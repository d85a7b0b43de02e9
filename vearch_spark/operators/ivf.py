"""IVF ANN indexes: MLlib-KMeans coarse quantizer + pruned exact scan.

The reference's IVFFLAT (gamma_index_ivfflat.cc) builds a KMeans coarse
quantizer, then at query time probes the ``nprobe`` nearest cells and
scans only their inverted lists. The Spark-native translation
(SURVEY.md §2.4, §4 custom op (1)):

- **train**: driver-side Lloyd's KMeans on a bounded random sample
  (the analog of faiss coarse-quantizer training at
  ``training_threshold`` docs, engine.cc:759-768 — faiss itself trains
  on ≤256k samples). Assignment of *every* row stays distributed via an
  Arrow-batched pandas UDF (one (batch,k) BLAS matmul per Arrow batch).
  MLlib KMeans was measured 5-10× slower end-to-end at small k: its
  per-iteration Spark jobs and VectorUDT conversions dominate, and a
  coarse quantizer never needs distributed training — only distributed
  assignment;
- **index** = a derived ``_cluster_id`` column on the docs table; at
  100 TB this is a written table *bucketed/partitioned by cluster id*
  so a probe prunes file-level partitions, not just rows;
- **probe**: the query's top-``nprobe`` centroids are found driver-side
  (ncentroids ≤ a few thousand floats — trivially small), and the scan
  becomes ``WHERE _cluster_id IN (<probes>)`` — a pushed-down partition
  filter — followed by the exact FLAT kernel on the survivors.

IVFPQ (gamma_index_ivfpq.cc) adds per-subvector product-quantization
codebooks with ADC scoring + a rerank pass (the published "Vearch
model", BASELINE.md). Spark-native: codebooks are trained on a bounded
driver-side sample (standard PQ practice — faiss trains on ≤256k
samples), codes are assigned once via a vectorized pandas UDF, ADC
scoring runs as an Arrow-batched pandas UDF against a per-query lookup
table, and the top ``rerank_k`` candidates are re-scored exactly from
the raw vectors (matching the reference's rerank stage).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from vearch_spark.errors import SearchError
from vearch_spark.filters import isin_sql
from vearch_spark.operators.topk import DeltaIndex
from vearch_spark.schema import ID_FIELD, Metric

CLUSTER_COL = "_cluster_id"
CODES_COL = "_pq_codes"


def _nearest_centroid_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid assignment. The centroid matrix
    (≤ a few MB) ships in the task closure — the Spark-side analog of
    broadcasting the trained coarse quantizer to every partition."""
    from pyspark.sql.pandas.functions import pandas_udf

    c = np.ascontiguousarray(centroids, dtype=np.float64)
    c2 = (c**2).sum(axis=1)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        # argmin ‖x−c‖² = argmin (−2x·c + ‖c‖²): ‖x‖² is constant per row
        d = c2 - 2.0 * (x @ c.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign


def _query_cell_order(centroids: np.ndarray, query: np.ndarray) -> np.ndarray:
    """Centroid ids ordered nearest-first for this query (driver-side).

    Always L2, regardless of the index's scoring metric: documents are
    assigned to cells by L2 argmin (``_nearest_centroid_udf``), so the
    cells are an L2 Voronoi partition — probing must rank cells in the
    SAME geometry or a doc's own cell may never be probed (faiss keeps
    assignment and probe on one quantizer for exactly this reason).
    The metric only decides how survivors are *scored*."""
    d = ((centroids - query) ** 2).sum(axis=1)
    return np.argsort(d)


class IVFFlatIndex(DeltaIndex):
    """IVFFLAT: coarse KMeans + cluster-pruned exact scan.

    The IVF skeleton every IVF index here shares, as gamma's IVF
    indexes share one (gamma_index_ivfflat.cc): train a quantizer,
    assign rows to cells, probe the query's cells, then screen and
    score the survivors. Subclasses swap the hooks — the quantizer
    (``_fit_coarse``, ``_assign_udf``, ``probe_cells``), the per-row
    encoders (``_train_encoders``, ``_augment``) and the candidate
    screen (``_screen``) — never the skeleton. Writes go through the
    shared :class:`~vearch_spark.operators.topk.DeltaIndex` path: delta
    rows carry their ``_cluster_id`` and are probed like base rows."""

    #: score by Hamming distance over packed codes (BINARYIVF)
    binary = False
    #: what a dump stores besides ``_params()``: one ``<name>.npy`` per
    #: fitted array, and fitted JSON values a constructor cannot rebuild
    _arrays: tuple[str, ...] = ("centroids",)
    _fitted: tuple[str, ...] = ()

    def __init__(
        self,
        vector_col: str,
        metric: Metric = Metric.L2,
        ncentroids: int = 256,
        nprobe: int = 16,
        id_col: str = ID_FIELD,
        seed: int = 42,
        coarse_train_sample: int = 262_144,
        **_: object,
    ):
        super().__init__(id_col)
        self.vector_col = vector_col
        self.metric = Metric(metric)
        self.ncentroids = ncentroids
        self.nprobe = nprobe
        self.seed = seed
        self.coarse_train_sample = coarse_train_sample
        self.centroids: np.ndarray | None = None

    def _train_sample(self, df: DataFrame) -> np.ndarray:
        """Bounded driver-side training sample (the reference trains
        the coarse quantizer on training_threshold docs,
        engine.cc:759-768; faiss caps clustering samples the same way)
        — at 262k × 512-dim float64 that is ~1 GB driver peak, bounded
        regardless of table size."""
        n = df.count()
        vec = df.select(self.vector_col)
        if n > self.coarse_train_sample:
            vec = vec.sample(self.coarse_train_sample / n, seed=self.seed)
        sample = vec.toPandas()[self.vector_col]
        return np.stack([np.asarray(v, dtype=np.float64) for v in sample])

    def _assign_udf(self):
        """Arrow-batched cell assignment against the trained quantizer
        — the single hook fit() and every write share, so written rows
        can never be assigned differently from the build."""
        return _nearest_centroid_udf(self.centroids)

    def _fit_coarse(self, df: DataFrame) -> np.ndarray:
        """Train the coarse quantizer; returns the driver-side training
        sample for reuse by subclass codebooks."""
        x = self._train_sample(df)
        k = max(1, min(self.ncentroids, len(x)))
        self.centroids = _kmeans_np(x, k, iters=20, seed=self.seed)
        return x

    def _train_encoders(self, sample: np.ndarray) -> None:
        """Subclass hook: train per-row encoders (PQ codebooks, RaBitQ
        nothing-to-train) from the coarse training sample."""

    def _augment(self, assigned: DataFrame) -> DataFrame:
        """Subclass hook: append encoding columns (PQ codes, RaBitQ
        sign codes + norms) to a cluster-assigned relation. FLAT stores
        raw vectors only."""
        return assigned

    def _indexable(self, df: DataFrame) -> DataFrame:
        """The rows an index holds: those with a vector. A document
        without one has nothing to assign, and searches can never
        score it."""
        return df.where(F.col(self.vector_col).isNotNull())

    def _assign(self, rows: DataFrame) -> DataFrame:
        """Cell-assign and encode indexable ``rows``: every row is
        assigned distributed (Arrow-batched argmin against the small
        centroid matrix shipped in the task closure)."""
        return self._augment(
            rows.withColumn(CLUSTER_COL, self._assign_udf()(F.col(self.vector_col)))
        )

    def _encode(self, df: DataFrame) -> DataFrame:
        return self._assign(self._indexable(df))

    @staticmethod
    def _layout(assigned: DataFrame) -> DataFrame:
        """Cluster-clustered storage layout: range-partition + sort by
        cluster id, so probe filters prune WHOLE cache batches via
        InMemoryTableScan's batch min/max stats — the in-memory mirror
        of save()'s partitionBy(_cluster_id) file pruning. One shuffle;
        without it a probe still scans every cached batch (measured at
        1M×64: no speedup over brute force; with it the pruned search
        tracks nprobe/ncentroids)."""
        return assigned.repartitionByRange(F.col(CLUSTER_COL)).sortWithinPartitions(
            CLUSTER_COL
        )

    def fit(self, df: DataFrame) -> "IVFFlatIndex":
        """Train the quantizers and encoders and build the base from
        ``df`` — the documented RebuildIndex lineage reset — off to the
        side; :meth:`_refit` publishes them and releases the superseded
        base."""

        def train(ix: "IVFFlatIndex") -> DataFrame:
            rows = ix._indexable(df)
            ix._train_encoders(ix._fit_coarse(rows))
            return ix._layout(ix._assign(rows)).persist()

        return self._refit(train)

    @property
    def assigned(self) -> DataFrame | None:
        """The cluster-assigned relation every search reads:
        :attr:`live`, the base itself (rows + ``_cluster_id``,
        range-partitioned and sorted by cell) when nothing is pending —
        the ready-made corpus side for
        :func:`~vearch_spark.operators.knn_join.knn_join`."""
        return self.live

    def probe_cells(self, query: Sequence[float], nprobe: int | None = None) -> list[int]:
        if self.centroids is None:
            raise SearchError("index not trained")
        nprobe = self.nprobe if nprobe is None else int(nprobe)
        if nprobe <= 0:
            raise SearchError(f"nprobe must be positive, got {nprobe}")
        order = _query_cell_order(self.centroids, np.asarray(query, dtype=np.float64))
        return [int(c) for c in order[:nprobe]]

    def _screen(
        self,
        pruned: DataFrame,
        query: Sequence[float],
        cells: list[int],
        limit: int,
        offset: int,
    ) -> DataFrame:
        """Hook: cut the probed, filtered rows down to the candidates
        the exact top-k re-scores (the cheap screen of a quantized
        index). FLAT scores every probed row."""
        return pruned

    def _rerank_pool(
        self, scored: DataFrame, est: str, limit: int, offset: int, *temp: str
    ) -> DataFrame:
        """A quantized screen's cut: the top ``rerank_k`` (the
        subclass's knob) rows by the estimate column ``est``, ties by
        id, minus the index columns ``temp``. The pool must cover the
        page the caller slices (``topk.search`` applies
        ``.offset(offset).limit(limit)`` downstream)."""
        rerank_k = max(self.rerank_k or max(limit * 4, 64), offset + limit)
        order = F.col(est).asc() if self.metric.ascending else F.col(est).desc()
        return (
            scored.orderBy(order, F.col(self.id_col).asc())
            .limit(rerank_k)
            .drop(CLUSTER_COL, *temp)
        )

    def search(
        self,
        df: DataFrame | None,  # unused: the assigned table is the index
        query: Sequence[float],
        limit: int = 50,
        flt: Column | None = None,
        nprobe: int | None = None,
        ef_search: int | None = None,  # the graph family's knob
        min_score: float | None = None,
        max_score: float | None = None,
        offset: int = 0,
        l2_sqrt: bool = False,
        output_fields: list[str] | None = None,
        vector_value: bool = False,
        score_col: str = "_score",
    ) -> DataFrame:
        """Probe the ``nprobe`` nearest cells, prune the scan to them,
        filter, :meth:`_screen`, then the exact FLAT top-k over what
        is left — the one search body of the IVF family."""
        from vearch_spark.operators import topk

        live = self.assigned
        if live is None:
            raise SearchError("index not trained")
        cells = self.probe_cells(query, nprobe)
        pruned = live.where(isin_sql(CLUSTER_COL, cells))
        if flt is not None:
            pruned = pruned.where(flt)
        pool = self._screen(pruned, query, cells, limit, offset)
        return topk.search(
            pool.drop(CLUSTER_COL),
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
            binary=self.binary,
        )

    def search_batch(
        self,
        queries: Sequence[Sequence[float]],
        limit: int = 50,
        flt: Column | None = None,
        nprobe: int | None = None,
        ef_search: int | None = None,  # the graph family's knob
        l2_sqrt: bool = False,
        score_col: str = "_score",
    ) -> DataFrame:
        """Batched multi-query ANN (req_num queries per request,
        parseVectors doc_query.go:255-338, served through the index).

        The probe set is a tiny broadcast relation (query_id, cell,
        query_vec); joining it on ``_cluster_id`` pairs every document
        only with the queries probing its cell — the docs side is
        scanned once for the whole batch, scoring ``nprobe/ncentroids``
        of the (query × doc) cross product. Per-query top-k is a rank
        window on query_id (map-side limited by WindowGroupLimit).
        Returns (query_id, id, score) rows.
        """
        from vearch_spark.operators import topk

        pruned = self.assigned
        if pruned is None:
            raise SearchError("index not trained")
        spark = pruned.sparkSession
        elem, qtype = (int, "int") if self.binary else (float, "double")
        probe_rows = [
            (qid, cell, [elem(x) for x in q])
            for qid, q in enumerate(queries)
            for cell in self.probe_cells(q, nprobe)
        ]
        # a pandas frame rides Arrow into a LocalRelation: one JVM call
        # for the whole probe set, not a pickled RDD per batch
        probes = spark.createDataFrame(
            pd.DataFrame(probe_rows, columns=["query_id", CLUSTER_COL, "query_vec"]),
            f"query_id int, {CLUSTER_COL} int, query_vec array<{qtype}>",
        )
        if flt is not None:
            pruned = pruned.where(flt)
        joined = pruned.join(F.broadcast(probes), on=CLUSTER_COL)
        m, score = topk._score(
            self.vector_col, "query_vec", self.metric, l2_sqrt, self.binary
        )
        scored = joined.withColumn(score_col, score)
        return topk._top_per_key(
            scored, "query_id", m, score_col, self.id_col, limit
        ).select("query_id", self.id_col, score_col)

    def _params(self) -> dict:
        """The constructor keywords as given — what a dump rebuilds the
        index from (``cls(**params)``)."""
        return {
            "vector_col": self.vector_col,
            "metric": self.metric.value,
            "ncentroids": self.ncentroids,
            "nprobe": self.nprobe,
            "id_col": self.id_col,
            "seed": self.seed,
            "coarse_train_sample": self.coarse_train_sample,
        }

    def save(self, path: str) -> None:
        """Dump the trained index (the reference's Engine::Dump,
        engine.cc:1246). Every index family writes the same layout
        (``persist.save_index``):

        - ``params.json``: ``{"kind": <class name>, "params":
          _params(), "fitted": {<name>: value for name in _fitted}}``;
        - one ``<name>.npy`` per fitted array in ``_arrays``
          (``centroids``; PQ adds ``codebooks``, two-level adds
          ``l1_centroids``/``l2_centroids``/``l2_valid``);
        - the relation directory: here ``assigned/``, the assigned
          table written ``partitionBy(_cluster_id)`` so probes prune
          parquet *directories* (the 100 TB physical form); the graph
          family writes ``graph/`` by ``_shard``.

        Pending writes are folded first, so a dump holds the base only.
        :meth:`load` rejects a dump of another class, or one missing a
        file, with a ``SchemaError``."""
        from vearch_spark import persist

        persist.save_index(self, path, "assigned", CLUSTER_COL)

    @classmethod
    def load(cls, spark, path: str) -> "IVFFlatIndex":
        """Reopen a saved index. Searches on a loaded index hit the
        partitioned parquet, so ``_cluster_id IN (probes)`` shows up as
        ``PartitionFilters`` in the scan — file-level pruning, the
        behavior that holds at 1000 executors."""
        from vearch_spark import persist

        idx, assigned = persist.load_index(cls, spark, path, "assigned")
        idx._reset(assigned)
        return idx


def _kmeans_np(x: np.ndarray, k: int, iters: int = 25, seed: int = 42) -> np.ndarray:
    """Small deterministic Lloyd's KMeans for PQ codebooks (driver-side,
    bounded sample — the same role as faiss's clustering on a training
    subset). Assignment uses the ‖x−c‖² = ‖x‖²−2x·c+‖c‖² expansion: one
    (n,k) BLAS matmul per iter instead of an (n,k,d) difference tensor."""
    rng = np.random.default_rng(seed)
    k = min(k, len(x))
    n = len(x)
    x = np.ascontiguousarray(x, dtype=np.float64)
    # greedy k-means++ seeding (scikit-learn's variant): sample
    # 2+log(k) candidates per step weighted by D², keep the one that
    # most reduces total potential. Pruned-probe recall at fixed nprobe
    # measurably beats both uniform init (0.80 mean) and plain ++
    # (worst seed 0.75) — greedy gives 0.865 mean / 0.82 worst on the
    # sf0.1 gate fixture.
    n_cand = 2 + int(np.log(k)) if k > 1 else 1
    x2 = (x**2).sum(axis=1)
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[rng.integers(n)]
    d2 = np.maximum(x2 - 2.0 * (x @ centers[0]) + (centers[0] ** 2).sum(), 0)
    for j in range(1, k):
        tot = d2.sum()
        cand = (
            rng.integers(0, n, size=n_cand)
            if tot <= 0
            else rng.choice(n, size=n_cand, p=d2 / tot)
        )
        best_d2, best_pot = None, np.inf
        for ci in cand:
            nd = np.minimum(d2, np.maximum(x2 - 2.0 * (x @ x[ci]) + x2[ci], 0))
            pot = nd.sum()
            if pot < best_pot:
                best_pot, best_d2, best_ci = pot, nd, ci
        centers[j] = x[best_ci]
        d2 = best_d2
    for _ in range(iters):
        # argmin ‖x−c‖² = argmin (‖c‖² − 2x·c): the ‖x‖² row constant is
        # dropped — one fewer (n,k) temporary per iteration
        d = (centers**2).sum(axis=1)[None, :] - 2.0 * (x @ centers.T)
        assign = d.argmin(axis=1)
        # per-cluster means via bincount (no Python loop over points)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.zeros_like(centers)
        np.add.at(sums, assign, x)
        nonempty = counts > 0
        centers[nonempty] = sums[nonempty] / counts[nonempty, None]
    return centers


class IVFRaBitQIndex(IVFFlatIndex):
    """IVFRABITQ (gamma_index_ivfrabitq.cc): binary quantization of the
    per-cluster *residual* plus an exact rerank pass.

    Spark-native simplification of RaBitQ: code bit j = sign of
    ``(v − centroid(v))[j]`` packed into ``dim/64`` longs, plus the
    stored residual norm ``‖v−c‖``. At query time the query's residual
    is binarized *per probed cell* (the residual depends on the cell)
    and the screen estimates the true distance angularly:

        cosθ ≈ cos(π · hamming/dim)        (sign-agreement estimator)
        est  = ‖v−c‖² + ‖q−c‖² − 2‖v−c‖‖q−c‖cosθ

    — all JVM expressions (``bit_count(xor)`` fold + ``cos``), whole-
    stage-codegen friendly. The top ``rerank_k`` by ``est`` are then
    re-scored exactly from raw vectors (the reference's rerank knob,
    SURVEY.md §2.4)."""

    CODE_COL = "_rbq_code"
    NORM_COL = "_rbq_norm"

    def __init__(self, *args, rerank_k: int | None = None, **kw):
        super().__init__(*args, **kw)
        self.rerank_k = rerank_k

    @property
    def dim(self) -> int | None:
        return None if self.centroids is None else int(self.centroids.shape[1])

    def _params(self) -> dict:
        return {**super()._params(), "rerank_k": self.rerank_k}

    def _augment(self, assigned: DataFrame) -> DataFrame:
        if self.centroids is None:
            raise SearchError("index not trained")
        cents = self.centroids
        vcol = self.vector_col
        dim = cents.shape[1]
        n_words = (dim + 63) // 64
        code_col, norm_col = self.CODE_COL, self.NORM_COL  # no self capture

        def encode(batches):
            for pdf in batches:
                vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vcol]])
                cells = pdf[CLUSTER_COL].to_numpy()
                resid = vecs - cents[cells]
                bits = (resid > 0).astype(np.uint8)
                pad = n_words * 64 - dim
                if pad:
                    bits = np.pad(bits, ((0, 0), (0, pad)))
                packed = np.packbits(bits, axis=1, bitorder="little").view("<i8")
                out = pdf.copy()
                out[code_col] = list(packed)
                out[norm_col] = np.linalg.norm(resid, axis=1)
                yield out

        from pyspark.sql import types as T

        schema = T.StructType(
            list(assigned.schema.fields)
            + [
                T.StructField(self.CODE_COL, T.ArrayType(T.LongType())),
                T.StructField(self.NORM_COL, T.DoubleType()),
            ]
        )
        return assigned.mapInPandas(encode, schema=schema)

    def _pack_signs(self, v: np.ndarray) -> list[int]:
        """Pack sign(v) into dim/64 little-endian longs (the same
        packing ``_augment`` applies to stored residuals)."""
        assert self.dim is not None
        n_words = (self.dim + 63) // 64
        bits = (v > 0).astype(np.uint8)
        pad = n_words * 64 - self.dim
        if pad:
            bits = np.pad(bits, (0, pad))
        return [int(w) for w in np.packbits(bits, bitorder="little").view("<i8")]

    def _query_codes(
        self, query: np.ndarray, cells: list[int]
    ) -> dict[int, tuple[list[int], float]]:
        """Per probed cell, the query-side screen constants.

        L2: (sign code of the query's residual q−c, ‖q−c‖) — the
        estimator needs the angle between the two *residuals*.
        IP: (sign code of q itself, q·c) — the screen estimates
        q·v = q·c + q·(v−c) with q·(v−c) ≈ ‖q‖·‖v−c‖·cos(π·ham/dim),
        so the reference direction is q, not a residual; the per-cell
        scalar is the exactly-known q·c term. Ordering by the L2
        estimate regardless of metric would cut large-norm, high-IP
        docs before the rerank stage (L2-closest ≠ IP-best on
        un-normalized vectors)."""
        assert self.centroids is not None and self.dim is not None
        out = {}
        for c in cells:
            if self.metric is Metric.L2:
                resid = query - self.centroids[c]
                out[c] = (self._pack_signs(resid), float(np.linalg.norm(resid)))
            else:
                out[c] = (
                    self._pack_signs(query),
                    float(self.centroids[c] @ query),
                )
        return out

    def _screen(self, pruned, query, cells, limit, offset) -> DataFrame:
        q = np.asarray(query, dtype=np.float64)
        qcodes = self._query_codes(q, cells)
        spark = pruned.sparkSession
        probes = spark.createDataFrame(
            [(c, qcodes[c][0], qcodes[c][1]) for c in cells],
            f"{CLUSTER_COL} int, _qcode array<long>, _qaux double",
        )
        joined = pruned.join(F.broadcast(probes), on=CLUSTER_COL)
        # Hamming: Σ bit_count(code[i] XOR qcode[i]), pure JVM; then the
        # angular estimate (docstring formula / _query_codes docstring)
        ham = F.aggregate(
            F.zip_with(
                F.col(self.CODE_COL),
                F.col("_qcode"),
                lambda a, b: F.bit_count(a.bitwiseXOR(b)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        import math

        cos_est = F.cos(ham * F.lit(math.pi / float(self.dim)))
        vn = F.col(self.NORM_COL)
        if self.metric is Metric.L2:
            qn = F.col("_qaux")  # ‖q−c‖
            est = vn * vn + qn * qn - F.lit(2.0) * vn * qn * cos_est
        else:
            # est q·v = q·c + ‖q‖·‖v−c‖·cos(angle(q, v−c))
            est = F.col("_qaux") + F.lit(float(np.linalg.norm(q))) * vn * cos_est
        return self._rerank_pool(
            joined.withColumn("_est", est), "_est", limit, offset,
            self.CODE_COL, self.NORM_COL, "_qcode", "_qaux", "_est",
        )


class IVFPQIndex(IVFFlatIndex):
    """IVFPQ with ADC scoring + exact rerank (the published Vearch
    config: ncentroids, nprobe, nsubvector — space.go:76-85).

    ``by_residual`` (default True, matching faiss IndexIVFPQ which the
    gamma engine wraps — gamma_index_ivfpq.cc): PQ codes quantize the
    RESIDUAL x − centroid(cell), and the ADC table is built per probed
    cell from the query's residual against that cell. Raw-vector PQ
    (by_residual=False) looks fine on low-dim data but collapses on
    high-dim clustered corpora: the cluster offset dominates every
    code, same-cell candidates become ADC-indistinguishable, and the
    rerank pool degrades to a random sample of the cell — measured at
    the reference's published VGG1M config (1M×512, ncentroids=1024,
    nprobe=40, nsubvector=64): recall@10 0.44 raw vs the residual
    form's (see SCALE.md)."""

    def __init__(
        self,
        vector_col: str,
        metric: Metric = Metric.L2,
        ncentroids: int = 256,
        nprobe: int = 16,
        nsubvector: int = 8,
        nbits: int = 8,
        rerank_k: int | None = None,
        # faiss-style bound: PQ codebooks converge on ~256 pts/centroid;
        # more sample only slows the driver-side fit
        train_sample: int = 65_536,
        id_col: str = ID_FIELD,
        seed: int = 42,
        by_residual: bool = True,
        **kw: object,  # the coarse quantizer's (coarse_train_sample)
    ):
        super().__init__(vector_col, metric, ncentroids, nprobe, id_col=id_col, seed=seed, **kw)
        self.nsubvector = nsubvector
        self.nbits = nbits
        self.ksub = 2**nbits
        self.rerank_k = rerank_k
        self.train_sample = train_sample
        self.by_residual = by_residual
        self.codebooks: np.ndarray | None = None  # (nsub, ksub, dsub)

    _arrays = ("centroids", "codebooks")
    #: the score threshold of the anisotropic code assignment
    #: (:meth:`_anisotropic_codes`); None assigns each subvector its
    #: nearest codeword — plain PQ. ScaNN sets it.
    noise_shaping_threshold: float | None = None

    def _params(self) -> dict:
        return {
            **super()._params(),
            "nsubvector": self.nsubvector,
            "nbits": self.nbits,
            "rerank_k": self.rerank_k,
            "train_sample": self.train_sample,
            "by_residual": self.by_residual,
        }

    def _residualize(self, x: np.ndarray) -> np.ndarray:
        """x − nearest-centroid(x), chunked so the distance matrix
        never exceeds ~64 MB driver-side. Cells are picked with
        :func:`_nearest_centroid_udf`'s arithmetic, so training
        residuals are taken against the cells rows are stored in."""
        out = np.empty_like(x)
        c2 = (self.centroids**2).sum(axis=1)
        step = max(1, (1 << 23) // max(1, len(self.centroids)))
        for lo in range(0, len(x), step):
            blk = x[lo : lo + step]
            d = c2 - 2.0 * (blk @ self.centroids.T)
            out[lo : lo + step] = blk - self.centroids[d.argmin(axis=1)]
        return out

    def _train_encoders(self, sample: np.ndarray) -> None:
        # reuse the coarse training sample for the PQ codebooks (same
        # distribution, skips a second driver-side collect job); with
        # by_residual the codebooks quantize residual space, like
        # faiss's IndexIVFPQ train_residual
        x = sample[: self.train_sample]
        if self.by_residual:
            x = self._residualize(x)
        dim = x.shape[1]
        if dim % self.nsubvector:
            raise SearchError(
                f"dimension {dim} not divisible by nsubvector {self.nsubvector}"
            )
        dsub = dim // self.nsubvector
        self.codebooks = np.stack(
            [
                _kmeans_np(x[:, i * dsub : (i + 1) * dsub], self.ksub, seed=self.seed + i)
                for i in range(self.nsubvector)
            ]
        )

    def _query_lut(self, query: Sequence[float]) -> np.ndarray:
        """Per-query (nsub, ksub) ADC partial-score table against the
        RAW query (no residual) — float64 exact: the shared table of
        :meth:`_pq_cell_luts` for IP and raw PQ (with by_residual + L2
        the per-cell tables are this same computation over each probed
        cell's query residual)."""
        q = np.asarray(query, dtype=np.float64)
        nsub, _, dsub = self.codebooks.shape
        if self.metric is Metric.L2:
            return np.stack(
                [
                    ((self.codebooks[i] - q[i * dsub : (i + 1) * dsub]) ** 2).sum(axis=1)
                    for i in range(nsub)
                ]
            )
        return np.stack(
            [self.codebooks[i] @ q[i * dsub : (i + 1) * dsub] for i in range(nsub)]
        )

    def _pq_cell_luts(
        self, query: Sequence[float], cells: list[int]
    ) -> tuple[np.ndarray, np.ndarray, float]:
        """ADC tables for the probed cells: (luts (m, nsub·ksub),
        add_back (m,), scale) with
        score ≈ lut_gather_sum · scale + add_back[cell].

        by_residual + L2: per-cell table over the query residual
        q − centroid(cell) (faiss IndexIVFPQ by_residual). by_residual
        + IP: q·x = q·c + q·residual, so ONE shared table over q (the
        returned luts has a single row — callers map every cell to row
        0; no m-fold copy ships in the task closure) plus a per-cell
        q·c add-back. Raw PQ: the single cell-independent table. The
        float form returns scale=1.0; FastScan overrides with the
        int8-quantized form."""
        q = np.asarray(query, dtype=np.float64)
        nsub, ksub, dsub = self.codebooks.shape
        m = len(cells)
        add_back = np.zeros(m, dtype=np.float64)
        if self.by_residual and self.metric is Metric.L2:
            luts = np.empty((m, nsub, ksub), dtype=np.float64)
            for ci, cell in enumerate(cells):
                qr = q - self.centroids[cell]
                for i in range(nsub):
                    blk = qr[i * dsub : (i + 1) * dsub]
                    luts[ci, i] = ((self.codebooks[i] - blk) ** 2).sum(axis=1)
        else:
            luts = self._query_lut(query)[None, :, :]  # (1, nsub, ksub)
            if self.by_residual:  # IP: fold q·centroid back per cell
                for ci, cell in enumerate(cells):
                    add_back[ci] = float(q @ self.centroids[cell])
        return luts.reshape(luts.shape[0], nsub * ksub), add_back, 1.0

    @staticmethod
    def _anisotropic_codes(
        vecs: np.ndarray,
        resid: np.ndarray,
        cb: np.ndarray,
        threshold: float | None,
        n_passes: int = 2,
    ) -> np.ndarray:
        """Code assignment of the encoded vectors ``resid`` (the raw
        vectors ``vecs`` minus their cell's centroid, or ``vecs``
        itself for raw PQ). Plain per-subspace argmin when
        ``threshold`` is None; otherwise coordinate descent on the
        anisotropic loss — each sweep re-picks every block's code with
        the other blocks fixed, so the loss is monotonically
        non-increasing (pinned by test_scann.py)."""
        n, dim = resid.shape
        nsub, ksub, dsub = cb.shape
        codes = np.empty((n, nsub), dtype=np.int32)
        for i in range(nsub):
            sub = resid[:, i * dsub : (i + 1) * dsub]
            d = (
                (sub**2).sum(axis=1)[:, None]
                - 2.0 * (sub @ cb[i].T)
                + (cb[i] ** 2).sum(axis=1)[None, :]
            )
            codes[:, i] = d.argmin(axis=1)
        if threshold is None or n == 0:
            return codes

        norms2 = (vecs**2).sum(axis=1)
        safe = np.maximum(norms2, 1e-12)
        # t̃² = T²/‖x‖², capped below 1 (a point inside the score
        # threshold sphere would want infinite parallel weight)
        t2 = np.clip((threshold**2) / safe, 0.0, 0.99)
        # floored at 1: the derivation yields eta < 1 for points whose
        # norm dwarfs the threshold, which REWARDS parallel error — on
        # recall@k it is strictly worse than isotropic (measured 0.46
        # vs 0.68 screen recall on the test fixture at T = 0.1·‖x‖).
        # The floor makes mis-scaled thresholds degrade to plain
        # residual PQ instead of inverting the objective.
        eta = np.maximum((dim - 1) * t2 / (1.0 - t2), 1.0)  # h∥/h⊥ per point
        xhat = vecs / np.sqrt(safe)[:, None]

        # e = r − decode(codes); maintain ‖e‖² and p = e·x̂ incrementally
        e = resid - np.concatenate(
            [cb[i][codes[:, i]] for i in range(nsub)], axis=1
        )
        e_sq = (e**2).sum(axis=1)
        p = (e * xhat).sum(axis=1)
        for _ in range(n_passes):
            for i in range(nsub):
                sl = slice(i * dsub, (i + 1) * dsub)
                r_b, x_b, e_b = resid[:, sl], xhat[:, sl], e[:, sl]
                base_sq = e_sq - (e_b**2).sum(axis=1)
                base_p = p - (e_b * x_b).sum(axis=1)
                # candidate error blocks e'_b = r_b − cb[i,k]
                cand_sq = (
                    (r_b**2).sum(axis=1)[:, None]
                    - 2.0 * (r_b @ cb[i].T)
                    + (cb[i] ** 2).sum(axis=1)[None, :]
                )
                cand_p = (r_b * x_b).sum(axis=1)[:, None] - (x_b @ cb[i].T)
                tot_p = base_p[:, None] + cand_p
                loss = base_sq[:, None] + cand_sq + (eta - 1.0)[:, None] * tot_p**2
                k = loss.argmin(axis=1)
                rows = np.arange(n)
                codes[:, i] = k
                new_e_b = r_b - cb[i][k]
                e[:, sl] = new_e_b
                e_sq = base_sq + cand_sq[rows, k]
                p = tot_p[rows, k]
        return codes

    def _augment(self, assigned: DataFrame) -> DataFrame:
        # assign PQ codes, Arrow-batched (closure must not capture
        # self — it holds unpicklable DataFrames)
        if self.codebooks is None:
            raise SearchError("index not trained")
        cb, thr = self.codebooks, self.noise_shaping_threshold
        vcol = self.vector_col
        cents = self.centroids if self.by_residual else None
        assign = IVFPQIndex._anisotropic_codes

        def encode(batches):
            for pdf in batches:
                vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vcol]])
                out = pdf.copy()
                if len(vecs) == 0:
                    out[CODES_COL] = []
                    yield out
                    continue
                # residual PQ: codes quantize x − centroid(cell); the
                # row's cell id is already assigned upstream
                resid = vecs if cents is None else vecs - cents[pdf[CLUSTER_COL].to_numpy()]
                out[CODES_COL] = list(assign(vecs, resid, cb, thr))
                yield out

        from pyspark.sql import types as T

        # (don't use StructType.add — it mutates the cached df schema)
        schema = T.StructType(
            list(assigned.schema.fields)
            + [T.StructField(CODES_COL, T.ArrayType(T.IntegerType()))]
        )
        return assigned.mapInPandas(encode, schema=schema)

    def _screen(self, pruned, query, cells, limit, offset) -> DataFrame:
        # per-probed-cell ADC tables (residual-aware; the FastScan
        # subclass overrides _pq_cell_luts with the int8-quantized
        # form — same gather+sum kernel either way)
        luts, add_back, scale = self._pq_cell_luts(query, list(cells))
        cell_idx = {int(c): j for j, c in enumerate(cells)}
        shared_lut = luts.shape[0] == 1  # one table for all cells (IP/raw)
        nsub, ksub, _ = self.codebooks.shape
        offsets = (np.arange(nsub) * ksub).astype(np.int64)

        from pyspark.sql.pandas.functions import pandas_udf

        @pandas_udf("double")
        def adc(cl: pd.Series, codes: pd.Series) -> pd.Series:
            if len(codes) == 0:
                return pd.Series([], dtype="float64")
            mat = np.stack(codes.to_numpy())
            cj = np.fromiter(
                (cell_idx[int(c)] for c in cl.to_numpy()), dtype=np.int64,
                count=len(mat),
            )
            out = np.empty(len(mat), dtype=np.float64)
            for j in np.unique(np.zeros_like(cj) if shared_lut else cj):
                msk = slice(None) if shared_lut else cj == j
                out[msk] = luts[j][mat[msk] + offsets].sum(axis=1)
            return pd.Series(out * scale + add_back[cj])

        approx = pruned.withColumn("_adc", adc(F.col(CLUSTER_COL), F.col(CODES_COL)))
        return self._rerank_pool(approx, "_adc", limit, offset, CODES_COL, "_adc")


class IVFPQFastScanIndex(IVFPQIndex):
    """IVFPQFastScan as a DISTINCT physical path
    (gamma_index_ivfpqfs.cc:36 → faiss IndexIVFPQFastScan). FastScan's
    two defining properties, both kept:

    - **4-bit PQ codes** (``nbits=4`` default — ksub=16, half the code
      bytes of classic PQ8);
    - **integer-quantized lookup tables**: the per-cell ADC tables are
      affine-quantized to uint8 (per-subquantizer bias, one shared
      scale — faiss's quantize_LUT shape), so the candidate screen
      gathers small ints and accumulates exactly in int32 instead of
      gathering float64. faiss then feeds those int8 LUTs to an AVX2
      shuffle; numpy's take+sum over a 16-entry int table is the
      vectorized analog available here — same memory-traffic win
      (16×int8 LUT per subquantizer fits a SIMD register / L1 line),
      no platform intrinsics.

    The quantization only coarsens the SCREEN ordering; the exact
    rerank stage (shared with IVFPQ) re-scores raw vectors, so the
    final contract is unchanged — recall is gated in
    tests/test_ivf_recall.py and the screen's agreement with the
    float-LUT screen is asserted directly."""

    def __init__(self, *args, nbits: int = 4, **kw):
        kw["nbits"] = nbits
        super().__init__(*args, **kw)

    def _pq_cell_luts(
        self, query: Sequence[float], cells: list[int]
    ) -> tuple[np.ndarray, np.ndarray, float]:
        """INT8_LUT16 quantization of the float tables: per-(cell,
        subquantizer) bias + ONE global scale (faiss quantize_LUT —
        sums of per-row-rescaled terms would not be comparable), bias
        sums folded into the per-cell add-back so integer screen scores
        stay comparable ACROSS cells. A single shared float row stays
        one row; the bias fold broadcasts over the cells. Returns
        (int32 (·, nsub·ksub), add_back', scale)."""
        luts, add_back, _ = super()._pq_cell_luts(query, cells)
        luts3 = luts.reshape(luts.shape[0], self.nsubvector, self.ksub)
        bias = luts3.min(axis=2, keepdims=True)
        spread = float((luts3 - bias).max())
        back = add_back + bias.sum(axis=1).ravel()
        if spread == 0.0:
            return np.zeros_like(luts, dtype=np.int32), back, 1.0
        scale = spread / 255.0
        iq = np.round((luts3 - bias) / scale).astype(np.int32)
        return iq.reshape(luts.shape), back, scale


class ScannIndex(IVFPQFastScanIndex):
    """SCANN — IVF + residual PQ with ANISOTROPIC (noise-shaped) code
    assignment + exact reordering.

    The reference ships Google ScaNN behind a C wrapper
    (`internal/engine/index/impl/scann/gamma_index_vearch.cc`,
    `scann_api.h`) configured by `scann/config.txt`: IVF partitioning
    (`num_children`, `max_spill_centers` = nprobe), asymmetric hashing
    with `use_residual_quantization: True`, 4-bit codes
    (`num_clusters_per_block: 16`, INT8_LUT16), a
    `noise_shaping_threshold` of 0.2, and `exact_reordering`. All of
    that but the code assignment is :class:`IVFPQFastScanIndex`; the
    algorithmic content follows the published method (Guo et al.,
    *Accelerating Large-Scale Inference with Anisotropic Vector
    Quantization*, ICML 2020):

    - **residual quantization**: PQ codebooks are trained on and codes
      encode r = x − centroid(cell), so the per-query lookup table is
      per-PROBED-CELL (built on q − centroid for L2, on q with the
      centroid dot added back for IP) — always, whatever
      ``by_residual`` says;
    - **anisotropic assignment** (the one piece added here): codes are
      chosen by coordinate descent over subspaces minimizing
      ``‖e‖² + (η−1)·(e·x̂)²`` where e is the quantization error,
      x̂ = x/‖x‖, and η = h∥/h⊥ = (d−1)·t̃²/(1−t̃²) with
      t̃ = T/‖x‖ (the paper's Theorem 3.2 weighting for score
      threshold T) — error PARALLEL to the datapoint costs more
      because it directly perturbs the inner product of high-scoring
      pairs;
    - **INT8_LUT16 screen**: FastScan's quantized per-cell LUTs
      (:meth:`IVFPQFastScanIndex._pq_cell_luts`);
    - **exact reordering**: FastScan's rerank pool, re-scored exactly
      from raw vectors by the shared `topk.search` stage.

    ``noise_shaping_threshold=None`` degrades to IVFPQFastScan with
    residual codes — the control arm the anisotropic recall test
    compares against.
    """

    def __init__(
        self,
        vector_col: str,
        metric: Metric = Metric.L2,
        ncentroids: int = 256,
        nprobe: int = 16,
        nsubvector: int = 8,
        nbits: int = 4,
        noise_shaping_threshold: float | str | None = "auto",
        rerank_k: int | None = None,
        train_sample: int = 65_536,
        id_col: str = ID_FIELD,
        seed: int = 42,
        **kw: object,
    ):
        kw["by_residual"] = True  # use_residual_quantization: True
        super().__init__(
            vector_col, metric, ncentroids, nprobe,
            nsubvector=nsubvector, nbits=nbits, rerank_k=rerank_k,
            train_sample=train_sample, id_col=id_col, seed=seed, **kw,
        )
        # "auto" resolves at fit time to 0.2 x the median training
        # norm — the reference config's 0.2 default generalized off
        # unit-norm embeddings (an ABSOLUTE 0.2 on data with norm ~20
        # puts every point far outside the threshold sphere; see the
        # eta floor in _anisotropic_codes). The keyword as given is
        # kept apart so every refit re-resolves it.
        self._threshold_arg = noise_shaping_threshold
        if noise_shaping_threshold is None or noise_shaping_threshold == "auto":
            self.noise_shaping_threshold = noise_shaping_threshold
        else:
            self.noise_shaping_threshold = float(noise_shaping_threshold)

    _fitted = ("noise_shaping_threshold",)

    def _params(self) -> dict:
        return {**super()._params(), "noise_shaping_threshold": self._threshold_arg}

    def _train_encoders(self, sample: np.ndarray) -> None:
        if self._threshold_arg == "auto":
            x = sample[: self.train_sample]
            self.noise_shaping_threshold = float(
                0.2 * np.median(np.sqrt((x**2).sum(axis=1)))
            )
        super()._train_encoders(sample)


# --- BINARYIVF -------------------------------------------------------------

# 8-bit popcount lookup table for vectorized Hamming distance
_POP8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1)


def _hamming_to_centroids(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(n, nbytes) uint8 codes vs (k, nbytes) uint8 centroids →
    (n, k) Hamming distances via the popcount LUT."""
    return _POP8[x[:, None, :] ^ cents[None, :, :]].sum(axis=2)


def _nearest_binary_centroid_udf(centroids: np.ndarray):
    """Arrow-batched Hamming argmin against the packed binary centroid
    matrix (k × d/8 bytes — tiny, ships in the task closure)."""
    from pyspark.sql.pandas.functions import pandas_udf

    c = np.ascontiguousarray(centroids, dtype=np.uint8)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        x = np.stack([np.asarray(v, dtype=np.uint8) for v in vs])
        d = _hamming_to_centroids(x, c)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign


class BinaryIVFIndex(IVFFlatIndex):
    """BINARYIVF (gamma_index_binary_ivf.cc): Hamming-metric IVF over
    packed uint8 codes — faiss IndexBinaryIVF semantics.

    Training mirrors faiss: unpack the code bits to floats, run
    standard KMeans (the reference sets cp.niter=10,
    gamma_index_binary_ivf.cc:99), then re-binarize the centroids
    (bit j = mean > 0.5, i.e. per-bit majority vote). Assignment and
    probing are Hamming argmin against the packed centroids. Defaults
    mirror the reference: ncentroids=256 (BinaryModelParams,
    gamma_index_binary_ivf.cc:23), nprobe=20
    (gamma_index_binary_ivf.cc:117).

    Everything else is the IVFFLAT skeleton — a derived
    ``_cluster_id`` column, written ``partitionBy(_cluster_id)`` at
    scale so probes prune files, the same search and batch bodies —
    with the scan kernel ``bit_count(xor)`` over d/8 bytes (JVM
    whole-stage codegen), ~32× fewer scan bytes than float vectors of
    the same dim.
    """

    binary = True

    def __init__(
        self,
        vector_col: str,
        ncentroids: int = 256,
        nprobe: int = 20,
        id_col: str = ID_FIELD,
        seed: int = 42,
        coarse_train_sample: int = 262_144,
        **_: object,
    ):
        # Hamming ranks ascending, like L2; centroids are (k, nbytes)
        # packed uint8
        super().__init__(
            vector_col, Metric.L2, ncentroids, nprobe, id_col, seed, coarse_train_sample
        )

    def _params(self) -> dict:
        params = super()._params()
        del params["metric"]  # always Hamming, ranked like L2
        return params

    def _fit_coarse(self, df: DataFrame) -> np.ndarray:
        packed = self._train_sample(df).astype(np.uint8)
        k = max(1, min(self.ncentroids, len(packed)))
        # faiss-style binary clustering: float KMeans over unpacked bits,
        # centroids re-binarized by per-bit majority (mean > 0.5)
        bits = np.unpackbits(packed, axis=1, bitorder="little").astype(np.float64)
        float_cents = _kmeans_np(bits, k, iters=10, seed=self.seed)
        self.centroids = np.packbits(
            (float_cents > 0.5).astype(np.uint8), axis=1, bitorder="little"
        )
        return packed

    def _assign_udf(self):
        # Hamming argmin against the packed centroids (the reference's
        # realtime RTInvertIndex AddDocs path for incremental adds)
        return _nearest_binary_centroid_udf(self.centroids)

    def probe_cells(self, query: Sequence[int], nprobe: int | None = None) -> list[int]:
        if self.centroids is None:
            raise SearchError("index not trained")
        nprobe = self.nprobe if nprobe is None else int(nprobe)
        if nprobe <= 0:
            raise SearchError(f"nprobe must be positive, got {nprobe}")
        q = np.asarray(query, dtype=np.uint8)[None, :]
        d = _hamming_to_centroids(q, self.centroids)[0]
        return [int(c) for c in np.argsort(d, kind="stable")[:nprobe]]


# --- Two-level coarse quantizer (the >64k-centroid scale path) -------------


def _nearest_cell2_udf(l1: np.ndarray, l2: np.ndarray):
    """Hierarchical cell assignment: argmin over the k1 level-1
    centroids, then argmin over that cell's k2 sub-centroids — O(k1 +
    k2) distance rows per vector instead of O(k1·k2). Batches group by
    the level-1 cell so the sub-centroid matmul runs per GROUP, never
    materializing an (n, k2, dim) gather."""
    from pyspark.sql.pandas.functions import pandas_udf

    a = np.ascontiguousarray(l1, dtype=np.float64)
    a2 = (a**2).sum(axis=1)
    b = np.ascontiguousarray(l2, dtype=np.float64)  # (k1, k2, dim)
    k2 = b.shape[1]

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        c1 = (a2 - 2.0 * (x @ a.T)).argmin(axis=1)
        out = np.empty(len(x), dtype=np.int64)
        for c in np.unique(c1):
            idx = np.nonzero(c1 == c)[0]
            cc = b[c]
            d = (cc**2).sum(axis=1)[None, :] - 2.0 * (x[idx] @ cc.T)
            out[idx] = int(c) * k2 + d.argmin(axis=1)
        return pd.Series(out.astype(np.int32))

    return assign


class TwoLevelIVFFlatIndex(IVFFlatIndex):
    """IVFFLAT with a two-level (hierarchical) coarse quantizer —
    the cell-count scale path.

    A flat coarse quantizer stops scaling around ~64k centroids: the
    driver-side probe ordering is O(ncentroids·dim) per query, and
    Lloyd's with k approaching the bounded training-sample size is
    ill-posed. At 100 TB (~10^11 rows) the sqrt(n) sizing rule wants
    ~10^5–10^6 cells. The classic fix (faiss's IMI / hierarchical
    coarse quantizers) is a centroid TREE: k1 level-1 cells, each with
    k2 sub-centroids trained on the cell's residents, giving k1·k2
    addressable cells while probe selection touches only
    O(k1 + nprobe_l1·k2) centroid distances and assignment O(k1 + k2)
    rows per vector.

    Everything downstream is untouched: the index is still one
    ``_cluster_id`` column (cell id = c1·k2 + c2), storage still
    ``partitionBy(_cluster_id)``, search still ``cell IN (probes)`` +
    the exact FLAT kernel — only the quantizer that NAMES the cells is
    hierarchical. Reference analog: the IVF skeleton of
    gamma_index_ivfflat.cc with a composite coarse quantizer.
    """

    def __init__(
        self,
        vector_col: str,
        metric: Metric = Metric.L2,
        ncentroids_l1: int = 256,
        ncentroids_l2: int = 64,
        nprobe: int = 32,
        nprobe_l1: int | None = None,
        id_col: str = ID_FIELD,
        seed: int = 42,
        coarse_train_sample: int = 262_144,
        l2_fit: str = "auto",
        **kw: object,
    ):
        super().__init__(
            vector_col,
            metric,
            ncentroids=ncentroids_l1 * ncentroids_l2,
            nprobe=nprobe,
            id_col=id_col,
            seed=seed,
            coarse_train_sample=coarse_train_sample,
            **kw,
        )
        if l2_fit not in ("auto", "driver", "distributed"):
            raise SearchError(f"l2_fit must be auto|driver|distributed, got {l2_fit!r}")
        self.l2_fit = l2_fit
        self.k1 = int(ncentroids_l1)
        self.k2 = int(ncentroids_l2)
        # enough level-1 beams that nprobe cells are reachable, plus
        # slack for boundary effects
        self.nprobe_l1 = int(nprobe_l1 or max(4, (nprobe + self.k2 - 1) // self.k2 * 2))
        self.l1_centroids: np.ndarray | None = None
        self.l2_centroids: np.ndarray | None = None  # (k1, k2, dim)
        self.l2_valid: np.ndarray | None = None  # (k1, k2) bool

    _arrays = ("centroids", "l1_centroids", "l2_centroids", "l2_valid")

    def _params(self) -> dict:
        params = super()._params()
        del params["ncentroids"]  # k1·k2
        return {
            **params,
            "ncentroids_l1": self.k1,
            "ncentroids_l2": self.k2,
            "nprobe_l1": self.nprobe_l1,
            "l2_fit": self.l2_fit,
        }

    #: below this many level-1 cells the per-cell fits run as the plain
    #: driver loop — a Spark job's fixed overhead would dominate, and
    #: both paths are bit-identical anyway (same order, same seeds)
    _L2_DISTRIBUTED_MIN_CELLS = 64

    def _fit_l2_cells(
        self, spark, x: np.ndarray, a1: np.ndarray, k1: int
    ) -> dict[int, np.ndarray]:
        """Level-2 KMeans for every populated level-1 cell. The k1 fits
        are INDEPENDENT, so at real cell counts (k1 = 1024-4096 for the
        10^5-10^6-cell regime) they run as ONE grouped Arrow job —
        `groupBy(c1).applyInPandas` — instead of a sequential driver
        loop (which was the fit wall-time at k1=4096: ~20 s of
        single-core numpy). Bit-identical to the driver loop by
        construction: each group re-sorts its rows by sample index
        (restoring the exact slice order `x[a1 == c]` yields) and uses
        the same per-cell seed, so `ivf2_knn` hashes are unchanged
        whichever path ran."""
        k2, base_seed = self.k2, self.seed
        distributed = self.l2_fit == "distributed" or (
            self.l2_fit == "auto" and k1 >= self._L2_DISTRIBUTED_MIN_CELLS
        )
        if not distributed or spark is None:
            return {
                c: _kmeans_np(
                    x[a1 == c], min(k2, int((a1 == c).sum())), iters=10,
                    seed=base_seed + 1000 + c,
                )
                for c in range(k1)
                if (a1 == c).any()
            }
        import pandas as pd

        pdf = pd.DataFrame({
            "c1": a1.astype("int32"),
            "i": np.arange(len(x), dtype="int64"),
            "vec": [row.tolist() for row in x],
        })
        sdf = spark.createDataFrame(pdf, schema="c1 int, i long, vec array<double>")

        def fit_cell(g: "pd.DataFrame") -> "pd.DataFrame":
            c = int(g["c1"].iloc[0])
            g = g.sort_values("i")
            sub = np.array(g["vec"].tolist(), dtype=np.float64)
            cents = _kmeans_np(sub, min(k2, len(sub)), iters=10,
                               seed=base_seed + 1000 + c)
            return pd.DataFrame({
                "c1": np.full(len(cents), c, dtype="int32"),
                "c2": np.arange(len(cents), dtype="int32"),
                "cent": [list(map(float, row)) for row in cents],
            })

        rows = (
            sdf.groupBy("c1")
            .applyInPandas(fit_cell, "c1 int, c2 int, cent array<double>")
            .collect()  # k1*k2 centroid rows — model-sized, not data-sized
        )
        by_cell: dict[int, dict[int, list]] = {}
        for r in rows:
            by_cell.setdefault(r["c1"], {})[r["c2"]] = r["cent"]
        return {
            c: np.array([m[j] for j in sorted(m)], dtype=np.float64)
            for c, m in by_cell.items()
        }

    def _fit_coarse(self, df: DataFrame) -> np.ndarray:
        x = self._train_sample(df)
        dim = x.shape[1]
        k1 = max(1, min(self.k1, len(x)))
        l1 = _kmeans_np(x, k1, iters=20, seed=self.seed)
        a1 = ((l1**2).sum(axis=1)[None, :] - 2.0 * (x @ l1.T)).argmin(axis=1)
        fitted = self._fit_l2_cells(df.sparkSession, x, a1, k1)
        l2 = np.empty((k1, self.k2, dim), dtype=np.float64)
        valid = np.ones((k1, self.k2), dtype=bool)
        for c in range(k1):
            cents = fitted.get(c)
            if cents is None:
                # empty cell: its only sub-centroid is the l1 centroid
                # itself (the driver loop's `sub = l1[c][None, :]` case)
                cents = _kmeans_np(l1[c][None, :], 1, iters=10,
                                   seed=self.seed + 1000 + c)
            if len(cents) < self.k2:
                # pad under-populated cells with far sentinels so the
                # L2 assignment argmin never picks them; the explicit
                # validity mask below additionally keeps them out of
                # PROBE slots (probe ranking is L2 too, but the mask
                # makes the exclusion independent of sentinel distance)
                valid[c, len(cents):] = False
                pad = np.full((self.k2 - len(cents), dim), 1.0e6)
                pad += np.arange(len(pad))[:, None]  # distinct rows
                cents = np.vstack([cents, pad])
            l2[c] = cents
        self.l1_centroids, self.l2_centroids = l1, l2
        self.l2_valid = valid
        # flattened view keeps the base-class contract (save(), ncentroids)
        self.centroids = l2.reshape(k1 * self.k2, dim)
        return x

    def _assign_udf(self):
        if self.l1_centroids is None or self.l2_centroids is None:
            raise SearchError("index not trained")
        return _nearest_cell2_udf(self.l1_centroids, self.l2_centroids)

    def probe_cells(self, query, nprobe: int | None = None) -> list[int]:
        """Hierarchical probe: rank level-1 cells, expand the best
        ``nprobe_l1`` into their sub-centroids, take the globally best
        ``nprobe`` cell ids among the expanded O(nprobe_l1·k2) — never
        touching the other (k1−nprobe_l1)·k2 centroids. Always L2 cell
        ranking, matching the L2 assignment geometry (see
        ``_query_cell_order``)."""
        if self.l1_centroids is None or self.l2_centroids is None:
            raise SearchError("index not trained")
        q = np.asarray(query, dtype=np.float64)
        nprobe = self.nprobe if nprobe is None else int(nprobe)
        if nprobe <= 0:
            raise SearchError(f"nprobe must be positive, got {nprobe}")
        d1 = ((self.l1_centroids - q) ** 2).sum(axis=1)
        top1 = np.argsort(d1)[: self.nprobe_l1]
        sub = self.l2_centroids[top1]  # (w1, k2, dim)
        d2 = ((sub - q) ** 2).sum(axis=2)
        if self.l2_valid is not None:
            d2 = np.where(self.l2_valid[top1], d2, np.inf)  # mask pad cells
        flat = d2.ravel()
        order = np.argsort(flat)[:nprobe]
        w1_idx, c2 = np.divmod(order, self.k2)
        return [int(top1[i]) * self.k2 + int(j) for i, j in zip(w1_idx, c2)]
