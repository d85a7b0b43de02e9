"""Bulk k-nearest-neighbor JOIN over embedding tables.

The search operators (``topk``, ``ivf``) answer *serving-shaped*
questions: a handful of query vectors against a corpus. A training-data
pipeline asks the *bulk* form — "for EVERY row of table A, the k
nearest rows of table B" — for kNN-LM datastores, retrieval-augmented
pairing, SemDeDup-style semantic dedup, and label propagation. A
broadcast of either side stops working when both sides are corpus-scale,
so this is its own operator with its own physical shape.

Physical shape (the blocked/bucketed knn-join — the standard scale
answer, cf. the IVF cell pruning the reference's own coarse quantizer
performs per query, vector_manager.cc:851-1199):

1. both sides are assigned to the SAME coarse Voronoi partition (the
   trained IVF quantizer — one KMeans fit shared with ANN search,
   diversity sampling and outlier scoring);
2. the *right* (corpus) side lands in its single nearest cell;
3. the *left* (query) side is multi-probed: each row replicates into
   its ``nprobe`` nearest cells — recall knob, exactly IVF's;
4. one shuffle-hash join on the cell id co-partitions the sides — no
   broadcast, no cross product; per-row candidate count is bounded by
   the probed cells' population (≈ nprobe·|B|/ncells for a balanced
   quantizer — rebalance with more centroids if cells skew);
5. per-left-row top-k is a rank window that Spark's WindowGroupLimit
   cuts map-side, so the final exchange carries at most k rows per
   left row.

Determinism / oracle: assignment and probe order use the expanded-L2
form ``‖c‖² − 2·x·c`` with stable argsort (ties → lowest cell id) —
the same arithmetic ``ivf._nearest_centroid_udf`` uses and the same
expression the DuckDB oracle rebuilds from centroid literals
(``__spark_entry__._sql_ivf_assign``), so the pruned candidate set is
reproducible cross-engine and the result hash-checks exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from vearch_spark.functions.distance import score_expr
from vearch_spark.operators.ivf import CLUSTER_COL
from vearch_spark.operators.topk import _top_per_key
from vearch_spark.schema import Metric


def probe_cells_udf(centroids: np.ndarray, nprobe: int):
    """Arrow-batched per-row probe list: the ``nprobe`` nearest cells,
    nearest-first — element 0 is the row's own (primary) cell, so one
    pass serves both the corpus-side assignment and the query-side
    multi-probe. Always L2 geometry (the quantizer's), regardless of
    the scoring metric — see ``ivf._query_cell_order``."""
    from pyspark.sql.pandas.functions import pandas_udf

    c = np.ascontiguousarray(centroids, dtype=np.float64)
    c2 = (c**2).sum(axis=1)
    p = int(min(nprobe, len(c)))

    @pandas_udf("array<int>")
    def probe(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        # argsort of ‖x−c‖² = argsort of (‖c‖² − 2x·c); stable sort ties
        # to the lowest cell id — the oracle's "ORDER BY dist, cid" twin
        d = c2 - 2.0 * (x @ c.T)
        order = np.argsort(d, axis=1, kind="stable")[:, :p].astype(np.int32)
        return pd.Series(list(order))

    return probe


def knn_join(
    left: DataFrame,
    right: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    right_vec_col: str | None = None,
    right_id_col: str | None = None,
    right_cluster_col: str | None = None,
    metric: Metric | str = Metric.L2,
    exclude_self: bool = False,
    kernel: str = "blas",
) -> DataFrame:
    """For every ``left`` row, the ``k`` nearest ``right`` rows among
    the ``nprobe`` probed cells.

    Returns ``(<id_col>, neighbor_id, score float, rank int)`` — for L2
    ascending squared distance (``rank`` 1 = nearest), for IP descending
    similarity; ties break on neighbor id. A left row whose probed
    cells hold fewer than ``k`` right rows returns fewer rows (never
    padded). ``exclude_self`` drops id-equal pairs — the self-join
    (``left is right``) form where every row's nearest neighbor is
    trivially itself.

    The pruning is approximate in exactly IVF's way: a true neighbor
    assigned to an unprobed cell is missed. ``nprobe == ncentroids``
    makes it exhaustive (= an exact knn join, at cell-join cost).

    ``right_cluster_col``: name of a PRE-COMPUTED assignment column on
    ``right`` — pass the trained index's own persisted relation
    (``IVFFlatIndex.assigned``, already cluster-range-partitioned) and
    the corpus-side Arrow pass disappears entirely; the column must
    come from the SAME centroids or the join probes the wrong cells.

    ``kernel``: how candidate pairs are scored.

    - ``"blas"`` (default): cogroup both sides by cell and score each
      cell as ONE numpy matmul (queries × corpus block), emitting only
      the per-cell top-k per query — the per-query global top-k then
      ranks at most nprobe·k rows. Measured 20× over the expression
      form at 1M×64 (the interpreted ``aggregate``/``zip_with`` tree
      walks per element; a cell block is one dgemm). Memory: a cell's
      corpus block materializes per task — size cells via ncentroids
      exactly as IVF does.
    - ``"expr"``: JVM fold per pair — bit-identical to the DuckDB
      oracle's sequential ``list_sum`` (the hash-checked configuration;
      BLAS reassociates additions, so its float64 may differ in the
      last ulp).
    """
    metric = Metric.parse(metric) if isinstance(metric, str) else metric
    if kernel not in ("blas", "expr"):
        raise ValueError(f"unknown kernel: {kernel!r} (blas | expr)")
    c = np.asarray(centroids, dtype=np.float64)
    rvec = right_vec_col or vec_col
    rid = right_id_col or id_col
    probe = probe_cells_udf(c, nprobe)

    if right_cluster_col is not None:
        corpus = right.select(
            F.col(rid).alias("_nbr_id"),
            F.col(rvec).cast("array<double>").alias("_nbr_vec"),
            F.col(right_cluster_col).alias(CLUSTER_COL),
        )
    else:
        corpus = right.select(
            F.col(rid).alias("_nbr_id"),
            F.col(rvec).cast("array<double>").alias("_nbr_vec"),
        ).withColumn(CLUSTER_COL, F.element_at(probe(F.col("_nbr_vec")), 1))
    queries = (
        left.select(
            F.col(id_col).alias("_qid"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
        .withColumn(CLUSTER_COL, F.explode(probe(F.col("_qv"))))
    )

    if kernel == "blas":
        scored = _cogroup_cell_topk(queries, corpus, metric, k, exclude_self)
    else:
        cand = queries.join(corpus, on=CLUSTER_COL)
        if exclude_self:
            cand = cand.where(F.col("_qid") != F.col("_nbr_id"))
        scored = cand.withColumn(
            "_score", score_expr("_qv", "_nbr_vec", metric)
        ).select("_qid", "_nbr_id", "_score")

    return _top_per_key(scored, "_qid", metric, "_score", "_nbr_id", int(k)).select(
        F.col("_qid").alias(id_col),
        F.col("_nbr_id").alias("neighbor_id"),
        F.col("_score").cast("float").alias("score"),
        F.col("_rank").alias("rank"),
    )


def _cogroup_cell_topk(
    queries: DataFrame,
    corpus: DataFrame,
    metric: Metric,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """Per-cell BLAS scoring: one (q_block × corpus_block) matmul per
    cell, per-cell per-query top-k emitted (k·nprobe candidate rows per
    query reach the global rank window — the cell's top-k within a cell
    is a superset of the global top-k's members from that cell)."""
    ascending = metric.ascending
    kk = int(k)

    def score_cell(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame({"_qid": [], "_nbr_id": [], "_score": []})
        # pre-sort the corpus block by neighbor id: a row-wise STABLE
        # argsort then breaks score ties toward the lowest id — the
        # contract the expr kernel's (score, id) window gives. A bare
        # argpartition keeps an arbitrary tied candidate, so the
        # per-cell cut could drop the very row the global window would
        # have ranked inside k (duplicate embeddings — the SemDeDup
        # case — make such ties routine).
        cpdf = cpdf.sort_values("_nbr_id", kind="stable")
        q = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["_qv"]])
        x = np.stack([np.asarray(v, dtype=np.float64) for v in cpdf["_nbr_vec"]])
        qid = qpdf["_qid"].to_numpy()
        nid = cpdf["_nbr_id"].to_numpy()
        if ascending:  # L2: ‖q‖² − 2q·x + ‖x‖²
            d = (
                (q**2).sum(axis=1)[:, None]
                - 2.0 * (q @ x.T)
                + (x**2).sum(axis=1)[None, :]
            )
        else:  # IP similarity, ranked descending → negate for argsort
            d = -(q @ x.T)
        if exclude_self:
            d[qid[:, None] == nid[None, :]] = np.inf
        m = min(kk, d.shape[1])
        order = np.argsort(d, axis=1, kind="stable")[:, :m]
        rows_q, rows_n, rows_s = [], [], []
        for i in range(len(qid)):
            cols = order[i][np.isfinite(d[i, order[i]])]
            rows_q.extend([qid[i]] * len(cols))
            rows_n.extend(nid[cols])
            rows_s.extend(d[i, cols] if ascending else -d[i, cols])
        return pd.DataFrame({"_qid": rows_q, "_nbr_id": rows_n, "_score": rows_s})

    qt = queries.schema["_qid"].dataType.simpleString()
    nt = corpus.schema["_nbr_id"].dataType.simpleString()
    return (
        queries.groupBy(CLUSTER_COL)
        .cogroup(corpus.groupBy(CLUSTER_COL))
        .applyInPandas(
            score_cell, schema=f"_qid {qt}, _nbr_id {nt}, _score double"
        )
    )


def knn_self_join(
    df: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: Metric | str = Metric.L2,
    kernel: str = "blas",
) -> DataFrame:
    """Every row's ``k`` nearest OTHER rows of the same table — the
    SemDeDup / kNN-graph form. Pure sugar over :func:`knn_join` with
    self-pairs excluded."""
    return knn_join(
        df,
        df,
        centroids,
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        metric=metric,
        exclude_self=True,
        kernel=kernel,
    )
